#!/usr/bin/env python3
"""Run one etlbench workload.

    python3 etlbench/run.py --workload dedup_graph --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from the checkout's sources with sbt (etlbench/build.sbt); later
runs reuse that build until a source file changes. Each run is one JVM on
local[n], n = nproc. The last line of stdout is the result JSON; the full
result, with its environment stamp, goes to etlbench/results/<run id>/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_STAMP = os.path.join(HERE, "target", "etlbench-classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 780
HEAP = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xms3g", "-Xmx3g", "-Xmn768m"]
WORKLOADS = ("dedup_graph", "medallion_etl")

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's build
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for base in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)


def source_sha256():
    h = hashlib.sha256()
    for p in sorted(sources()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s", 3)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The runtime classpath, building first when a source is newer than the build."""
    if os.path.exists(BUILD_STAMP):
        built = os.path.getmtime(BUILD_STAMP)
        if all(os.path.getmtime(p) <= built for p in sources()):
            with open(BUILD_STAMP) as f:
                return f.read().strip()
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    with open(log, "w") as f:
        f.write(out)
    lines = [l for l in out.splitlines() if "etlbench" in l and l.strip() and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code}); log in {os.path.relpath(log, ROOT)}")
    cp = lines[-1].strip()
    with open(BUILD_STAMP, "w") as f:
        f.write(cp + "\n")
    return cp


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ENGINE_SRC, "scala", "graft", "SparkEntry.scala")):
        fail("engine sources not found: run from the root of a checkout")

    cp = classpath()
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(HERE, ".work", f"jvm-tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "etlbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--bench-dir", HERE, "--cores", str(cores),
            "--commit", git_commit(), "--source-sha256", source_sha256()]
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    log = os.path.join(HERE, "results", f"{a.workload}-s{a.seed}-t{a.trace}.log")
    try:
        with open(log, "w") as err:
            code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE,
                                    stderr=err, text=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.splitlines()
    if code != 0 or not lines:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"run failed (exit {code}); log in {os.path.relpath(log, ROOT)}", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 1)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
