#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload corpus_prep|query_mix|egal_stream \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first call builds the library's main
sources together with the harness (sbt, offline, see perfbench/build.sbt);
later calls reuse the build while no source changed. Each run works in a
scratch directory under perfbench/work that is deleted when it ends. With
--trace 1 the span trace is written to perfbench/traces/.

--record rewrites perfbench/expected/query_mix.txt from this run's outputs.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIBRARY = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "perfbench.stamp")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every file the build reads, in a stable order."""
    h = hashlib.sha256()
    roots = [LIBRARY, os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    digest = source_hash()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    for flag in ["-Dsbt.offline=true", "-Dsbt.server.autostart=false"]:
        if flag not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = [l for l in lines if os.path.join("target", "scala-") in l and ":" in l]
    if not cp:
        fail("build printed no classpath")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_jvm(args, work, trace_out):
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()
    cmd = ["java"]
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
            "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work,
            "--expected", os.path.join(BENCH, "expected", "query_mix.txt"),
            "--record", "1" if args.record else "0"]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("run timed out", 3)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["corpus_prep", "query_mix", "egal_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(LIBRARY, "scala", "graft")):
        fail(f"library sources not found under {LIBRARY}")
    os.makedirs(TARGET, exist_ok=True)
    build()
    work = os.path.join(BENCH, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    trace_out = None
    if args.trace:
        os.makedirs(os.path.join(BENCH, "traces"), exist_ok=True)
        trace_out = os.path.join(BENCH, "traces",
                                 f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
    try:
        code, out = run_jvm(args, work, trace_out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still works there
    result = None
    for line in reversed(out.splitlines()):
        if line.startswith("{") and '"metrics"' in line:
            result = json.loads(line)
            break
    if result is None:
        fail(f"no result line (exit code {code})", 4)
    if code != 0 or not result["correct"]:
        print(json.dumps(result), file=sys.stderr)
        fail("an output check failed", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
