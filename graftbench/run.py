#!/usr/bin/env python3
"""Build graft from the checkout's sources and run the graftbench benchmark.

Run from the root of a graft checkout:

    python3 graftbench/run.py --workload geo_etl --seed 1 --seconds 7 --trace 0
    python3 graftbench/run.py --selftest

The first run compiles graft and the benchmark with sbt (graftbench/build.sbt
depends on the root build) and caches the runtime classpath in .bench_build/,
keyed by a hash of every source and build file. Later runs start the JVM
directly. Stdout is the benchmark's own: comment lines starting with '#',
then one JSON result line. Set-up failures exit non-zero with no result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "graftbench")
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JVM_OPTS = [
    "-Xmx4g", "-XX:+UseParallelGC",
    "-Dio.netty.tryReflectionSetAccessible=true",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [
    arg
    for pkg in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every file the build reads, so any source change rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", os.path.join("src", "main"),
            os.path.join("graftbench", "build.sbt"), os.path.join("graftbench", "project"),
            os.path.join("graftbench", "src")]
    for top in tops:
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            if "target" not in d.split(os.sep) and os.sep + "project" + os.sep + "project" not in d
            for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, stdout):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def classpath():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft not found)")
    stamp = source_hash()
    cp_file = os.path.join(BUILD, "classpath-" + stamp[:16] + ".txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    print(f"graftbench: building (log: {log})", file=sys.stderr)
    with open(log, "w") as fh:
        try:
            code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                              "export Runtime/fullClasspath"], BENCH, BUILD_TIMEOUT_S, fh)
        except subprocess.TimeoutExpired:
            fail("build timed out", 3)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cp = next((l for l in reversed(lines) if not l.startswith("[") and os.pathsep in l), None)
    if code != 0 or cp is None:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail("build failed", 3)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def run(args):
    cp = classpath()
    scratch = os.path.join(BUILD, "scratch", str(os.getpid()))
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    spans = os.path.join(BUILD, "spans", f"{args.workload}-seed{args.seed}.jsonl")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}", "-cp", cp,
                               "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
                               "--seconds", str(args.seconds), "--trace", str(args.trace),
                               "--scratch", scratch, "--spans", spans]
    if args.inject:
        cmd.append("--inject")
    try:
        return run_child(cmd, ROOT, RUN_TIMEOUT_S, None)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def selftest():
    """An injected failing operation and an injected wrong result must both
    show up as failed operations, on every workload."""
    for w in ["geo_etl", "text_dedup", "index_rw"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", "1",
               "--seconds", "1", "--trace", "0", "--inject"]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S + 30)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        res = json.loads(last) if last.startswith("{") else None
        ok = out.returncode == 0 and res is not None and res["failed"] == 2 and not res["correct"]
        errors = [l for l in out.stdout.splitlines() if l.startswith("# error")]
        print(f"selftest {w}: {'ok' if ok else 'FAILED'}: "
              f"{res and res['failed']} of {res and res['attempted']} failed", *errors, sep="\n  ")
        if not ok:
            return 1
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["geo_etl", "text_dedup", "index_rw"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=7)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", action="store_true",
                    help="inject one failing operation and one wrong result (self-test)")
    ap.add_argument("--selftest", action="store_true", help="check that injected faults are reported")
    args = ap.parse_args()
    if args.selftest:
        sys.exit(selftest())
    if not args.workload:
        ap.error("--workload is required")
    sys.exit(run(args))


if __name__ == "__main__":
    main()
