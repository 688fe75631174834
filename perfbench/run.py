#!/usr/bin/env python3
"""Build the benchmark and run one workload.

    python3 perfbench/run.py --workload sales_etl --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. The first run in a
checkout compiles the program and the benchmark with sbt (perfbench/build.sbt)
and caches the runtime classpath under .bench_build/; later runs start the
JVM directly. The JVM prints progress and input properties on stdout; this
script relays them and prints the result object as the last line.
Exit code 0 only when the run completed and every correctness check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("batch_jobs", "index_lifecycle")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# Spark on JDK 17 needs these outside spark-submit (the program's build.sbt
# passes the same list to its forked runs and tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        if os.path.isfile(top):
            entries = [top]
        else:
            entries = []
            for d, dirs, files in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x != "target")
                entries += [os.path.join(d, f) for f in sorted(files)]
        for p in entries:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """The benchmark's runtime classpath, building first when sources changed."""
    stamp = os.path.join(BUILD, "classpath.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log_path})")
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (exit {proc.returncode}, log: {log_path})")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def stop(proc):
    """Stop the JVM and wait until it has ended."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        except ProcessLookupError:
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources at {ROOT} (build.sbt, src/main/scala)")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    cp = classpath()

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = min(4, os.cpu_count() or 1)
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cpus", str(cpus),
              "--traces", os.path.join(BUILD, "traces"), "--run-id", run_id])
    log_path = os.path.join(BUILD, "logs", run_id + ".log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    result = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        # a watchdog, so a JVM that hangs without printing is stopped too
        timer = threading.Timer(RUN_TIMEOUT_S, stop, [proc])
        timer.start()
        try:
            for line in proc.stdout:
                if line.startswith("{\"correct\""):
                    result = json.loads(line)
                else:
                    sys.stdout.write(line)
                    sys.stdout.flush()
            proc.wait()
        finally:
            timed_out = not timer.is_alive()
            timer.cancel()
            stop(proc)
    if timed_out:
        fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_path})")
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        fail(f"the JVM exited {proc.returncode} without a result (log: {log_path})")
    print(json.dumps(result), flush=True)
    ok = proc.returncode == 0 and result["correct"] and result["failed"] == 0
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
