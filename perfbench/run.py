#!/usr/bin/env python3
"""Run one benchmark workload against the library built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace 0 --record-digests

The first run in a checkout builds the library and the benchmark with sbt
(offline, from source) and caches the runtime classpath under .bench_build/;
later runs start the JVM directly. Every file a run writes (inputs, the
Spark warehouse and local dirs, the JVM's temporary files, spans) stays
under .bench_build/. The last line of standard output is the JSON result.
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
DIGESTS = os.path.join(HERE, "digests.tsv")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list as the library's own build.
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


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles library and benchmark; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: the benchmark builds the library from source")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            cached_stamp, cp = fh.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}", "-Xmx2g"])
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "[error]" in out.stdout:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        sys.stderr.write(out.stdout[-4000:])
        fail("build printed no classpath")
    with open(CLASSPATH, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def java_cmd(cp, main, work, args):
    java = shutil.which("java") or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    return [java, "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", *opens, "-cp", cp, main,
            "--work", work, *args]


def run_java(cmd, work):
    """Runs the JVM to completion; it is killed, and waited for, if this
    script times out or is terminated."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    # turn SIGTERM into SystemExit so the JVM is stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    cp = build()
    os.makedirs(os.path.join(BUILD, "work"), exist_ok=True)
    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}-t{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    if a.selftest:
        code, out = run_java(java_cmd(cp, "perfbench.SelfTest", work, []), work)
        sys.stdout.write(out)
        sys.exit(code)

    spans = os.path.join(BUILD, "spans", f"{tag}-{os.getpid()}.jsonl")
    # --seconds does not reach the benchmark: every run makes the same fixed
    # number of passes, so a faster program gets no extra, warmer ones
    args = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
            "--spans", spans, "--digests", DIGESTS]
    if a.record_digests:
        args.append("--record-digests")
    code, out = run_java(java_cmd(cp, "perfbench.Main", work, args), work)
    lines = out.rstrip("\n").split("\n")
    if code != 0:
        sys.stdout.write("\n".join(lines[:-1]) + "\n")
        fail(f"benchmark exited with {code}")
    result = json.loads(lines[-1])
    if list(result["metrics"]) != expected_metrics(a.trace):
        fail("metrics differ from those BENCHMARK.json names")
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
