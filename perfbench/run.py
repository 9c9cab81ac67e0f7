#!/usr/bin/env python3
"""Benchmark command for the review-summarization engine.

Builds the engine and the benchmark from source once per checkout, runs
one workload in a fresh JVM, and prints the run's result as the last line
of standard output: one JSON object with the keys correct, attempted,
failed and metrics. Exits non-zero, without a result, when the build or
the run fails or a result is wrong.

Usage, from the repository root:

    python3 perfbench/run.py --workload product_reviews --seed 1 --seconds 10 --trace 0

Workloads: product_reviews, big_product (see perfbench/README.md).
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
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("product_reviews", "big_product")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, as paths relative to the repository."""
    out = [os.path.join(d, f) for d in ("", "perfbench")
           for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for top in (os.path.join("perfbench", "src", "main"), os.path.join("src", "main")):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def run_child(cmd, cwd, env, timeout):
    """Runs cmd in its own process group. On timeout, or when this process
    is told to stop, kills the group and waits for it. Returns (exit code,
    or None on timeout, and stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, start_new_session=True, text=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit(128 + signum)

    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, ""
    finally:
        for s, h in previous.items():
            signal.signal(s, h)


def build():
    """Compiles with sbt when the sources changed since the last build and
    returns the runtime classpath."""
    digest = hashlib.sha256()
    for rel in sources():
        digest.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Djava.io.tmpdir=" + tmp]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    code, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "compile", "export Runtime/fullClasspath"],
                          HERE, env, BUILD_TIMEOUT_S)
    sys.stderr.write(out)
    lines = [l for l in out.splitlines() if os.path.join(HERE, "target") in l and ":" in l]
    if code != 0 or not lines:
        raise SystemExit(f"build failed (exit {code})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found: run from a checkout of the repository")
    cp = build()

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for o in ADD_OPENS for x in ("--add-opens", o)] + [
        "--add-modules=jdk.incubator.vector", "-Xmx3g",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work-dir", work]
    try:
        code, out = run_child(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if code is None:
        raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s")
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        raise SystemExit(f"run printed no result (exit {code})")
    if code != 0 or not result.get("correct") or result.get("failed"):
        sys.stderr.write(lines[-1] + "\n")
        raise SystemExit(f"run failed (exit {code}): wrong or failed results")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
