#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine and print its metrics.

    python3 perfbench/run.py --workload sql_star --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the engine (src/main/
scala) together with the harness (perfbench/src/main/scala) and generates the
fixtures (perfbench/gendata.py); both are cached under .bench_build/perfbench,
keyed by a hash of their sources. The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it is the
run's metadata. The exit code is 0 only when every output checksum matched.
"""
import argparse
import contextlib
import fcntl
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("sql_star", "text_cold")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_OPTS = [o for p in ADD_OPENS for o in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Xms1g", "-Xmx1g", "-XX:+UseParallelGC", "-Xss4m", "-XX:ReservedCodeCacheSize=1g"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources(*dirs):
    return sorted(p for d in dirs for p in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


@contextlib.contextmanager
def build_lock():
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        yield


def scalac(srcs, out, classpath):
    """Compile with the Scala compiler that ships in the Spark jar directory."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = ":".join(classpath + [os.path.join(spark_jars(), "*")])
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-d", tmp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"[perfbench] compilation failed ({len(srcs)} sources)")
    os.replace(tmp, out)


def prune(current):
    """Remove the outputs of earlier builds of the same kind as `current`."""
    kind = os.path.basename(current).split("-")[0]
    for p in glob.glob(os.path.join(BUILD, kind + "-*")):
        if p != current and not p.startswith(current + "-"):
            shutil.rmtree(p, ignore_errors=True)


def spark_jars():
    """The jar directory build.sbt compiles and runs the engine against
    (`unmanagedBase`); it also holds the Scala compiler."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        sys.exit("[perfbench] no Spark jar directory: build.sbt names none that exists")
    return m.group(1)


def build_classes():
    """Directory of compiled engine + harness classes, compiling if stale."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(engine, "graft", "SparkEntry.scala")):
        sys.exit(f"[perfbench] engine sources not found under {engine}")
    srcs = sources(engine, os.path.join(HERE, "src", "main", "scala"))
    out = os.path.join(BUILD, "classes-" + digest(srcs))
    with build_lock():
        if not os.path.isdir(out):
            log(f"compiling {len(srcs)} sources")
            scalac(srcs, out, [])
            prune(out)
    return out


def fixtures():
    """Directory of generated fixtures, generating if missing."""
    gen = os.path.join(HERE, "gendata.py")
    out = os.path.join(BUILD, "data-" + digest([gen]))
    with build_lock():
        if not os.path.isdir(out):
            log("generating fixtures")
            subprocess.run([sys.executable, gen, out], check=True)
            prune(out)
    # read every file once so no timed query pays a cold page-cache miss
    for p in glob.glob(os.path.join(out, "*.parquet")):
        with open(p, "rb") as f:
            while f.read(1 << 20):
                pass
    return out


def git_head():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def java(classpath, main_args, log_path):
    """Run the harness JVM; returns (exit code, stdout lines)."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp",
                                 ":".join(classpath + [os.path.join(spark_jars(), "*")]),
                                 "perfbench.Main"] + main_args
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=BUILD, stdout=subprocess.PIPE, stderr=err, text=True)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"the harness did not finish within {JVM_TIMEOUT_S} s; log: {log_path}")
            sys.exit(1)
    with open(log_path) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="re-pin expected.json from the current engine")
    ap.add_argument("--dump", action="store_true",
                    help="write every query's output for crosscheck.py")
    a = ap.parse_args()

    classes = build_classes()
    data = fixtures()
    out = os.path.join(BUILD, "out")
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)
    common = ["--fixtures", data, "--expected", os.path.join(HERE, "expected.json"), "--out", out]
    if a.record or a.dump:
        mode = "record" if a.record else "dump"
        code, _ = java([classes], ["--mode", mode] + common, os.path.join(out, "logs", mode + ".log"))
        sys.exit(code)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    log_path = os.path.join(out, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    code, lines = java([classes], [
        "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--git-head", git_head()] + common,
        log_path)
    results = [l for l in lines if l.startswith("{")]
    if code not in (0, 3) or len(results) < 2:
        log(f"harness exited with {code}; log: {log_path}")
        sys.exit(1)
    print(results[-2])
    print(results[-1])
    sys.exit(0 if code == 0 else 1)


if __name__ == "__main__":
    main()
