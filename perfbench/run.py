#!/usr/bin/env python3
"""Benchmark entry point.

Builds the engine together with the benchmark's own Scala workloads (once per
source state, with sbt, into .bench_build/), runs one workload in a fresh
JVM on local[nproc] and prints the run's result as the last line of
standard output:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 2 --trace 1 --smoke
    python3 perfbench/run.py --selfcheck

Run it from the root of a checkout. Everything it writes stays under
.bench_build/ in that checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("bulk_build", "serve")
BUILD_LIMIT_S = 850
RUN_LIMIT_S = 170
HEAP = "6g"
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_offline_flags():
    """Keep sbt from reaching for a network: offline mode, and the local
    repository list when the user has one."""
    flags = ["-Dsbt.offline=true"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        flags += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    return flags


def run_group(cmd, limit_s, log_path, **kw):
    """Runs `cmd` in its own process group with stderr to `log_path`;
    kills the whole group if it outlives `limit_s`. Returns (code, stdout)."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=logf, stdin=subprocess.DEVNULL,
                             text=True, start_new_session=True, **kw)
        try:
            stdout, _ = p.communicate(timeout=limit_s)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode, stdout


def build():
    """Returns the runtime classpath, compiling first if the sources changed."""
    stamp = os.path.join(BUILD, "classpath.txt")
    want = source_hash()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            have, cp = fh.read().split("\n", 1)
        if have == want:
            return cp.strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log("compiling engine and benchmark (first run in this checkout)")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "-Dsbt.server.autostart=false", "-Djava.io.tmpdir=" + tmp,
           "-J-XX:-UsePerfData"] + sbt_offline_flags() + [
           "compile", "export Runtime/fullClasspath"]
    log_path = os.path.join(BUILD, "build.log")
    try:
        code, stdout = run_group(cmd, BUILD_LIMIT_S, log_path, cwd=HERE,
                                 env=dict(os.environ, COURSIER_MODE="offline"))
    except subprocess.TimeoutExpired:
        sys.exit("build exceeded %d s; see %s" % (BUILD_LIMIT_S, log_path))
    with open(log_path, "a") as logf:
        logf.write(stdout)
    lines = [l for l in stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.exit("build failed; see " + log_path)
    with open(stamp, "w") as fh:
        fh.write(want + "\n" + lines[-1].strip() + "\n")
    return lines[-1].strip()


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return shutil.which("java") or sys.exit("no java on PATH")


def run_jvm(cp, args, limit_s):
    """Runs graft.perfbench.Main with `args`; returns its stdout lines or exits."""
    tag = "-".join(a for a in args if not a.startswith("--"))[:80] or "run"
    run_dir = os.path.join(BUILD, "runs", "%s-%d" % (tag, os.getpid()))
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log_path = os.path.join(BUILD, "logs", tag + ".log")
    cmd = [java(), *ADD_OPENS, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
           "-cp", cp, "graft.perfbench.Main", *args,
           "--run-dir", run_dir, "--out-dir", os.path.join(BUILD, "results")]
    try:
        code, stdout = run_group(cmd, limit_s, log_path, cwd=ROOT)
    except subprocess.TimeoutExpired:
        sys.exit("run exceeded %d s; see %s" % (limit_s, log_path))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit("run failed with code %d; see %s" % (code, log_path))
    return stdout.splitlines()


def result_line(lines):
    """The run's result: its last stdout line, checked against the contract."""
    if not lines:
        sys.exit("run printed no result")
    res = json.loads(lines[-1])
    if set(res) != RESULT_KEYS or not isinstance(res["attempted"], int) or res["attempted"] < 1:
        sys.exit("malformed result: " + lines[-1])
    return lines[-1]


def main():
    # a terminated run must not leave its JVM behind: SystemExit unwinds
    # through run_group, which kills the child's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for exercising the benchmark")
    ap.add_argument("--selfcheck", action="store_true", help="check the benchmark's own statistics")
    a = ap.parse_args()
    if not a.selfcheck and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(ENGINE_SRC):
        sys.exit("engine sources not found at %s; run from the root of a checkout"
                 % os.path.relpath(ENGINE_SRC))
    cp = build()
    if a.selfcheck:
        print(run_jvm(cp, ["--selfcheck"], RUN_LIMIT_S)[-1])
        return
    for w in (WORKLOADS if a.workload == "all" else (a.workload,)):
        t0 = time.time()
        line = result_line(run_jvm(cp, [
            "--workload", w, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--smoke", "1" if a.smoke else "0"], RUN_LIMIT_S))
        log("%s finished in %.1f s" % (w, time.time() - t0))
        if a.workload == "all":
            for k, m in json.loads(line)["metrics"].items():
                print("%-12s %-40s %14.6g %s" % (w, k, m["value"], m["unit"]))
        print(line, flush=True)


if __name__ == "__main__":
    main()
