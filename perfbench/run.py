#!/usr/bin/env python3
"""Benchmark of the DQ engine and the curation operators.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload dq_gate_write --seed 1 --seconds 10 --trace 0

Workloads: dq_gate_write, dq_wide_eval, curation_topk (see BENCHMARK.json).
The first call builds the library and the harness with sbt (the repository's
own build plus perfbench/build.sbt); later calls reuse the build while the
sources are unchanged. Each call runs one JVM with Spark at local[<cores>],
writes everything under one scratch root inside perfbench/.scratch (deleted
at exit), and prints as its last stdout line one JSON object with the keys
correct, attempted, failed and metrics (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). A preceding "perfbench labels" line
records cores, heap, GC, versions, seed, source id, input sizes and the
failed-run fraction.
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
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench.stamp")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
SCRATCH = os.path.join(HERE, ".scratch")
WORKLOADS = ("dq_gate_write", "dq_wide_eval", "curation_topk")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (the launcher's defaults)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, subdirs, names in os.walk(top):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile with sbt unless the stamp says the build is current."""
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    log("building (sbt compile)")
    t0 = time.time()
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        raise SystemExit("perfbench: build timed out")
    except BaseException:
        stop(proc)
        raise
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {proc.returncode})")
    # `export` prints the classpath as a bare line; log lines start with "["
    cp = [ln.strip() for ln in out.splitlines()
          if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if not cp:
        raise SystemExit("perfbench: sbt printed no classpath")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1])
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def java(classpath, root, args, timeout):
    """Run the harness JVM in `root`; returns the finished process with its
    stdout. Kills the JVM's whole process group on timeout."""
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={root}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--scratch", root] + args
           + ["--launch-epoch-ns", str(time.time_ns())])
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        stop(proc)
        raise
    return subprocess.CompletedProcess(cmd, proc.returncode, out)


def stop(proc):
    """Kill a child's whole process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def clear_stale_roots():
    """Delete scratch roots whose owning process is gone (killed runs)."""
    if not os.path.isdir(SCRATCH):
        return
    for name in os.listdir(SCRATCH):
        pid = name.split("-")[-1]
        if pid.isdigit() and not alive(int(pid)):
            shutil.rmtree(os.path.join(SCRATCH, name), ignore_errors=True)


def commit_label(stamp):
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        if r.returncode == 0:
            return f"commit {r.stdout.strip()} source {stamp[:16]}"
    return f"source {stamp[:16]}"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    # a terminated benchmark still stops its JVM and deletes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong-expected", action="store_true",
                    help="perturb one expected value (the harness's own self-test)")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no library sources next to perfbench/ (build.sbt, src/main/scala); nothing to measure")
        return 2

    stamp = source_hash()
    build(stamp)
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()

    clear_stale_roots()
    root = os.path.join(SCRATCH, f"run-{int(time.time())}-{os.getpid()}")
    os.makedirs(os.path.join(root, "tmp"))
    args = (["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--cores", str(cores()),
             "--source-id", commit_label(stamp)]
            + (["--inject-wrong-expected"] if a.inject_wrong_expected else []))
    try:
        try:
            r = java(classpath, root, args, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"run exceeded {RUN_TIMEOUT_S} s")
            return 1
        lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
        if r.returncode != 0 or not lines:
            log(f"harness exited {r.returncode}")
            return 1
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            log(f"malformed result line: {lines[-1][:200]}")
            return 1
        for ln in lines[:-1]:
            if ln.startswith("perfbench labels "):
                print(ln)
        print(json.dumps(result), flush=True)
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(SCRATCH)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
