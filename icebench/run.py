#!/usr/bin/env python3
"""Runs one icebench workload and prints its result as the last stdout line.

    python3 icebench/run.py --workload warehouse --seed 1 --seconds 1 --trace 0

Run from the repository root. The first run builds the harness and the
repository's library sources with sbt into .bench_build/ (again whenever a
source file changes); later runs start the JVM straight from the recorded
classpath. Everything a run writes stays under .bench_build/.

Exit status is 0 only when a result was printed.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SBT_TARGET = os.path.join(BUILD, "sbt")
CLASSPATH = os.path.join(SBT_TARGET, "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
# query_mix's fixed input tables, written by the first run after a build
FIXTURES = os.path.join(BUILD, "fixtures")
WORKLOADS = ("warehouse", "query_mix")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("icebench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every input of the build: library sources plus the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, dirs, files in os.walk(r):
            dirs.sort()
            out.extend(os.path.join(d, f) for f in sorted(files))
    return out


def build_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, env, timeout):
    """Runs cmd in its own process group; kills the group on timeout or
    interrupt, and always waits for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out.decode("utf-8", "replace")
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def spark_jars():
    """The Spark jar directory the repository's build.sbt compiles against,
    else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    fail("no Spark jars: neither build.sbt's unmanagedBase nor SPARK_HOME")


def ensure_built():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no library sources at src/main/scala: run from a full checkout")
    stamp = build_stamp()
    if (os.path.exists(STAMP) and os.path.exists(CLASSPATH)
            and open(STAMP).read() == stamp):
        return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    env["ICEBENCH_SPARK_JARS"] = spark_jars()
    # keep sbt's scratch files inside the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "")
                       + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    print("icebench: building (sbt writeClasspath)", file=sys.stderr)
    try:
        code, out = run_child([sbt, "-batch", "-Dsbt.log.noformat=true",
                               "writeClasspath"], HERE, env, 840)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if code != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(out[-4000:])
        fail("build failed")
    shutil.rmtree(FIXTURES, ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def on_term(signum, frame):
    # unwinds through run_child, which kills and reaps the JVM's group
    sys.exit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, on_term)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="inject a throwing and a wrong op; expect 2 failed")
    ap.add_argument("--freeze", metavar="OUT",
                    help="write query_mix fingerprints to OUT and stop")
    a = ap.parse_args()

    ensure_built()
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            "-Dlog4j2.configurationFile="
            + os.path.join(HERE, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", open(CLASSPATH).read().strip(), "icebench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--trace-out", traces,
              "--queries", os.path.join(HERE, "query_mix.tsv"),
              "--fixtures", FIXTURES]
           + (["--selftest"] if a.selftest else [])
           + (["--freeze", os.path.abspath(a.freeze)] if a.freeze else []))
    try:
        code, out = run_child(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines:
        sys.stdout.write(out)
        fail(f"harness exited with {code}")
    if a.selftest or a.freeze:
        print(lines[-1] if lines else "")
        return
    result = json.loads(lines[-1])
    names = list(result.get("metrics", {}))
    want = expected_metrics(a.trace == 1)
    if names != want:
        fail(f"metrics {names} do not match BENCHMARK.json {want}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
