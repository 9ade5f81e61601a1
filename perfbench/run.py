#!/usr/bin/env python3
"""Benchmark of the Spark sketch library (see BENCHMARK.json).

Run from the repository root:

    python3 perfbench/run.py --workload <build|contract> --seed <n> \
        --seconds <n> --trace <0|1>

The first run in a checkout compiles the harness together with the
library's own sources (sbt, perfbench/build.sbt); later runs reuse that
build until a source file changes. Each run starts one JVM that drives
the library on local[4], prints metric lines, and ends with one JSON
object: the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The exit code is 0 only when every output check passed.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 175
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: library sources and harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "BENCHMARK.json")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_command():
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        # resolve from the local caches only, as the repository's own build does
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                "-Dsbt.offline=true"]
    return cmd + ["writeClasspath"]


def ensure_build(build_dir):
    """Returns the runtime classpath, compiling first when stale."""
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    print("perfbench: building harness and library (sbt)", file=sys.stderr)
    r = subprocess.run(sbt_command(), cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        fail(f"sbt build failed with exit code {r.returncode}", 1)
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(HERE, "target", "runtime-classpath.txt")) as f:
        jars = f.read().strip().split(os.pathsep)
    # a private copy of the harness jar: a later sbt run in perfbench/
    # cannot change the classes under a running benchmark
    own = os.path.join(build_dir, "perfbench.jar")
    shutil.copyfile(jars[0], own)
    cp = os.pathsep.join([own] + jars[1:])
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def result_of(line):
    """The JVM's result line: one JSON object with the contract's keys."""
    res = json.loads(line)
    if not isinstance(res, dict) or set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"not a result object: {line[:200]}")
    return res


def main():
    # the arguments go to the JVM unchanged: perfbench.Main validates them
    argv = sys.argv[1:]
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the library sources (src/main/scala/graft) are not next to perfbench/")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json is not next to perfbench/")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    cp = ensure_build(build_dir)

    work = os.path.join(build_dir, "work")
    scratch = [os.path.join(work, d) for d in ("tmp", "spark-local", "warehouse", "webpages")]
    for d in scratch:
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(scratch[0])
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # pre-touching the heap keeps first-touch page faults out of the
        # timed passes
        f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={scratch[0]}", "-cp", cp, "perfbench.Main"] + argv + [
        "--work-dir", work, "--sf-dir", os.path.join(HERE, "testdata", "sf0.001")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=scratch[1])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    finally:
        for d in scratch:
            shutil.rmtree(d, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    try:
        res = result_of(lines[-1])
    except ValueError as e:
        print(out, file=sys.stderr)
        fail(f"no valid result line (JVM exit {proc.returncode}): {e}", 1)
    print("\n".join(lines[:-1]))
    print(json.dumps(res))
    if proc.returncode != 0 or not res["correct"] or res["failed"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
