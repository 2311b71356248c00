#!/usr/bin/env python3
"""Pipeline benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first call builds the engine from
../src/main/scala together with the benchmark (sbt, everything under
.bench_build/); later calls reuse the build while the sources are
unchanged. Each call then starts one JVM that generates the workload's
inputs from the seed, runs and checks it, and prints one JSON line as the
last line of stdout: {"correct", "attempted", "failed", "metrics"}.
Exits non-zero, printing no result, when the build or the run fails.

Extra options, not used by BENCHMARK.json:
    --tiny               tiny inputs (the smoke test)
    --surface-dir DIR    harness scale-factor directory for query_surface
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
WORKLOADS = ("batch_history", "stream_backlog", "dashboard_serve",
             "query_surface")
JVM_TIMEOUT_S = 170
SURFACE_TIMEOUT_S = 3600
# The inputs are small. A fixed, pre-touched heap keeps peak RSS steady
# run to run, so what moves it is the memory outside the heap.
HEAP = "2g"
BUILD_TIMEOUT_S = 800
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, in a stable order."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src", "main"),
                 os.path.join(HERE, "project")):
        for d, _, fs in os.walk(base):
            if os.sep + "target" in d:
                continue
            out += [os.path.join(d, f) for f in fs]
    out.append(os.path.join(HERE, "build.sbt"))
    return sorted(out)


def source_id():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise SystemExit("Spark jars not found: set SPARK_HOME")
    return jars


def build(sid, jars):
    """Compile once per source state; concurrent callers wait on a lock."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "built.stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == sid:
            return
        log("building engine + benchmark (sbt compile)")
        # offline: every dependency comes from the local caches, through
        # the user's sbt repositories file when there is one
        env = dict(os.environ, PERFBENCH_SPARK_JARS=jars,
                   COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        cmd = (["sbt", "--batch", "-Dsbt.log.noformat=true",
                "-Dsbt.server.autostart=false", "-Dsbt.offline=true",
                "-J-XX:-UsePerfData",
                "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global")] +
               (["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
                if os.path.isfile(repos) else []) +
               ["compile"])
        t0 = time.time()
        with open(os.path.join(BUILD, "build.log"), "w") as out:
            rc = subprocess.call(cmd, cwd=HERE, env=env, stdout=out,
                                 stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        if rc != 0 or not os.path.isdir(CLASSES):
            raise SystemExit(f"build failed (rc={rc}); see {BUILD}/build.log")
        log(f"built in {time.time() - t0:.0f} s")
        with open(stamp, "w") as f:
            f.write(sid)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none (not a git checkout)"
    try:
        return subprocess.check_output(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                       text=True, stderr=subprocess.DEVNULL).strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true")
    p.add_argument("--surface-dir")
    a = p.parse_args()
    if a.workload == "query_surface" and not a.surface_dir:
        p.error("query_surface needs --surface-dir")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no engine sources next to the benchmark "
                         "(run from the root of a checkout)")

    sid = source_id()
    jars = spark_jars()
    build(sid, jars)

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] +
           [f"--add-opens={m}=ALL-UNNAMED" for m in JDK17_OPENS] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:ReservedCodeCacheSize=512m",
            "-XX:+UseCodeCacheFlushing", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--root", ROOT, "--work", work,
            "--source-id", sid, "--git-commit", git_commit()] +
           (["--tiny"] if a.tiny else []) +
           (["--surface-dir", os.path.abspath(a.surface_dir)]
            if a.surface_dir else []))
    limit = SURFACE_TIMEOUT_S if a.workload == "query_surface" else JVM_TIMEOUT_S
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"{a.workload}: no result within {limit} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"{a.workload}: JVM exited with {proc.returncode}")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
