#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload pdq_months --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first call builds the library and the
harness with sbt (offline, from the local caches) and records the runtime
classpath; later calls rebuild only when a source or build file changed.
Each run is one fresh JVM. Everything the benchmark writes goes under
`.perfbench/` in the checkout: the build stamp, the stream replay input,
span files of traced runs, per-run logs, and the run's work directory,
which is removed when the run ends.
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

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("pdq_months", "queries_stream")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the list Spark's
# launcher passes, as in the library's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint(root):
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    tops = ["build.sbt", os.path.join("project", "build.properties"),
            os.path.join("src", "main")]
    rel_here = os.path.relpath(HERE, root)
    tops += [os.path.join(rel_here, p) for p in
             ("build.sbt", os.path.join("project", "build.properties"),
              os.path.join("src", "main"))]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, log, env=None):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it. Returns (exit code, stdout)."""
    with open(log, "ab") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            print(f"[perfbench] timed out after {timeout}s: {cmd[0]}",
                  file=sys.stderr)
            return -1, b""
    return p.returncode, out


def java_cmd(classpath, tmp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Xlog:disable", "-Xlog:all=warning:stderr"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def build(root, state):
    """Compile library + harness if needed; return the runtime classpath
    (jars)."""
    os.makedirs(state, exist_ok=True)
    stamp = os.path.join(state, "build.json")
    with open(os.path.join(state, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = source_fingerprint(root)
        if os.path.exists(stamp):
            with open(stamp) as fh:
                known = json.load(fh)
            if known.get("fingerprint") == fp:
                return known["classpath"]
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                               f"-Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx2g")
        log = os.path.join(state, "build.log")
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspathAsJars"],
            HERE, BUILD_TIMEOUT_S, log, env)
        lines = out.decode(errors="replace").strip().splitlines()
        if code != 0 or not lines or ".jar" not in lines[-1]:
            fail(f"build failed (exit {code}); see {log}")
        classpath = lines[-1].strip()
        with open(stamp, "w") as fh:
            json.dump({"fingerprint": fp, "classpath": classpath}, fh)
        return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout: build.sbt and "
             "src/main/scala/graft are missing here")
    state = os.path.join(root, ".perfbench")
    classpath = build(root, state)

    work = os.path.join(state, "runs", str(os.getpid()))
    cache = os.path.join(state, "cache")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(cache, exist_ok=True)
    os.makedirs(os.path.join(state, "logs"), exist_ok=True)
    log = os.path.join(state, "logs",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    if os.path.exists(log):
        os.remove(log)
    cmd = java_cmd(classpath, tmp) + [
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--benchmark", os.path.join(root, "BENCHMARK.json"),
        "--data", os.path.join(HERE, "data", "sf0.01"),
        "--work", work, "--cache", cache]
    try:
        code, out = run_bounded(cmd, root, RUN_TIMEOUT_S, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode(errors="replace").strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if code != 0 or not isinstance(result, dict):
        fail(f"run failed (exit {code}); see {log}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
