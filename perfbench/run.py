#!/usr/bin/env python3
"""Benchmark of the graft engine: collection merges and a curation batch,
fully materialized and checked.

Run from the repository root:

    python3 perfbench/run.py --workload collect_merge --seed 1 --seconds 3 --trace 0

It builds the engine's sources together with the benchmark's own
(perfbench/build.sbt, sbt offline) when they changed since the last build,
runs one workload in a fresh JVM, and prints as its last stdout line
{"correct", "attempted", "failed", "metrics"}: every end-to-end metric of
BENCHMARK.json with --trace 0, every per-layer metric with --trace 1.
Metric names and units come from BENCHMARK.json. It exits non-zero when an
op failed or returned a wrong answer, and without a result when the build
or the run cannot happen.
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

BENCH = "perfbench"
TARGET = os.path.join(BENCH, "target")
SOURCES = ["src/main/scala", "src/main/resources", BENCH + "/src/main",
           BENCH + "/build.sbt", BENCH + "/project/build.properties"]
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    for root in SOURCES:
        if os.path.isfile(root):
            files = [root]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def spark_home():
    """Spark's install directory: its jars are the engine's classpath."""
    homes = [os.environ.get("SPARK_HOME")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes += [os.path.dirname(os.path.dirname(p)) for p in (submit, os.path.realpath(submit))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("Spark not found: set SPARK_HOME")


def build(digest, deadline):
    """Compile with sbt unless the last build had the same sources; returns
    the runtime classpath."""
    os.makedirs(TARGET, exist_ok=True)
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and os.path.exists(cp_file):
            with open(stamp) as f:
                if f.read() == digest:
                    with open(cp_file) as c:
                        return c.read()
        if shutil.which("sbt") is None:
            fail("sbt is not on PATH")
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env.setdefault("SBT_OPTS", " ".join(opts))
        print(f"[perfbench] building sources {digest}", file=sys.stderr)
        out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], BENCH, env, deadline)
        if out is None:
            fail("build failed")
        cp = out.strip().splitlines()[-1]
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp, "w") as f:
            f.write(digest)
        return cp


def run_bounded(cmd, cwd, env, deadline, ok_codes=(0,)):
    """Run cmd in its own process group, stderr passed through; returns its
    stdout, or None when it exits with a code outside ok_codes or outlives
    the deadline. The whole group is killed and reaped either way."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"[perfbench] {cmd[0]} timed out", file=sys.stderr)
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if p.returncode not in ok_codes:
        sys.stderr.write(out[-4000:] if out else "")
        print(f"[perfbench] {cmd[0]} exited {p.returncode}", file=sys.stderr)
        return None
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    if not os.path.exists("BENCHMARK.json"):
        fail("run from the repository root: BENCHMARK.json not found")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir("src/main/scala/graft"):
        fail("engine sources (src/main/scala/graft) not found")

    digest = source_digest()
    cp = build(digest, start + BUILD_LIMIT_S)
    java = shutil.which("java") or fail("java is not on PATH")
    # everything the run writes, the JVM's temporary files included
    work = os.path.abspath(os.path.join(TARGET, f"run-{os.getpid()}"))
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java, "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["perfbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace), digest, work]
    env = dict(os.environ, CLASSPATH=cp)
    try:
        # exit code 1 is a run that measured but saw failed ops or wrong output
        out = run_bounded(cmd, ".", env, time.time() + RUN_LIMIT_S, ok_codes=(0, 1))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in (out or "").splitlines() if l.startswith("PERFBENCH ")]
    if not lines:
        fail("the run produced no result")
    res = json.loads(lines[-1][len("PERFBENCH "):])

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["metrics"]
    unknown = set(got) - {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing and not a.trace:
        fail(f"end-to-end metrics not measured: {missing}")
    if missing:
        print(f"[perfbench] layers {a.workload} does not exercise, reported as 0: {missing}",
              file=sys.stderr)
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    failed = int(res["failed"])
    print(json.dumps({"correct": failed == 0, "attempted": int(res["attempted"]),
                      "failed": failed, "metrics": metrics}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
