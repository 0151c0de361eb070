#!/usr/bin/env python3
"""Build the library and the benchmark from source, run one workload in a
fresh JVM and print its result as the last line of standard output.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Everything the run writes stays under
`.bench_build/` (or `$CARGO_TARGET_DIR` when it names a directory inside
the checkout): compiled classes, Spark scratch space, the warehouse of
the run (deleted at the end) and the run's artifacts (`result.json` with
the environment record, and `spans.jsonl` when traced).
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("ingest_stream", "upsert_lookup", "mv_refresh")
ROOT = os.getcwd()
RUN_LIMIT_S = 170  # a run must end within 180 s; keep headroom for the build check
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the library builds against: the `unmanagedBase` that
    build.sbt declares, else `$SPARK_HOME/jars`."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def build_dir():
    d = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    if os.path.commonpath([d, ROOT]) != ROOT:
        d = os.path.join(ROOT, ".bench_build")
    return d


def sources(pattern):
    return sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_into(out, srcs, classpath, jars, log):
    """scalac (the compiler jar Spark ships, the library's Scala version)
    into a fresh directory, renamed into place only on success."""
    if os.path.isdir(out):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath] + srcs
    t0 = time.time()
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT).returncode
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"compile failed ({len(srcs)} files); log in {log}")
    os.rename(tmp, out)
    print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f}s", file=sys.stderr)


def build():
    """Compiles the library, then the benchmark against it; each is keyed
    on a hash of its sources and reused while they are unchanged. Older
    outputs are left in place: a run still in flight may be using them."""
    lib = sources("src/main/scala/**/*.scala")
    bench = sources("perfbench/src/*.scala")
    if not lib:
        die("no library sources under src/main/scala; run from the repository root")
    if not bench:
        die("no benchmark sources under perfbench/src")
    jars_dir = spark_jars()
    if not glob.glob(os.path.join(jars_dir, "scala-compiler-*.jar")):
        die(f"Spark jars with the Scala compiler not found in '{jars_dir}'")
    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    with open(os.path.join(bd, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        lib_key = digest(lib)
        lib_out = os.path.join(bd, f"lib-{lib_key}")
        jars = os.path.join(jars_dir, "*")
        compile_into(lib_out, lib, jars, jars, os.path.join(bd, "lib-compile.log"))
        bench_out = os.path.join(bd, f"bench-{digest(bench, lib_key)}")
        compile_into(bench_out, bench, lib_out + os.pathsep + jars, jars,
                     os.path.join(bd, "bench-compile.log"))
    return [bench_out, lib_out, jars]


def java_cmd(classpath, run_dir, args):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    log_conf = os.path.join(ROOT, "perfbench", "log4j2.properties")
    # A 1 GiB code cache, as build.sbt forks with, so generated query code
    # never falls back to the interpreter; a fixed heap, so heap resizing
    # does not differ between runs.
    return (["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
             f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
             f"-Dlog4j2.configurationFile={log_conf}",
             "-cp", os.pathsep.join(classpath)] + opens + ["perfbench.Main"] + args)


def run_jvm(cmd, timeout_s):
    """Runs the JVM in its own process group; on timeout kills the group
    and waits for it. Returns (exit code, stdout lines)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"run exceeded {timeout_s:.0f}s and was killed")
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0,
                    help="tiny tables and batches, for the benchmark's own tests")
    ap.add_argument("--digest", type=int, default=None, metavar="CYCLES",
                    help="print the SHA-256 of the seed tables and the first CYCLES cycles' inputs, then exit")
    a = ap.parse_args()

    cp = build()
    bd = build_dir()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--smoke", str(a.smoke)]
    if a.digest is not None:
        rc, lines = run_jvm(java_cmd(cp, bd, args + ["--digest", str(a.digest)]), 120)
        if rc != 0 or not lines:
            die(f"digest run failed with exit code {rc}")
        print(lines[-1])
        return

    run_dir = os.path.join(bd, "runs", f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        rc, lines = run_jvm(java_cmd(cp, run_dir, args + ["--run-dir", run_dir]), RUN_LIMIT_S)
    finally:
        for sub in ("wh", "tmp", "spark-warehouse"):
            shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    for line in lines[:-1]:
        print(line)
    if rc != 0 or not lines:
        die(f"benchmark JVM exited with code {rc}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die(f"malformed result line: {lines[-1]}")
    print(f"perfbench: artifacts in {os.path.relpath(run_dir, ROOT)}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
