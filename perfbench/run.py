#!/usr/bin/env python3
"""Repository benchmark: runs one workload in its own JVM and prints the result.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the engine and the benchmark from source on first use (see
perfbench/build.sh) into the directory named by CARGO_TARGET_DIR, default
`.bench_build`, and rebuilds whenever a source file changes. All inputs,
warehouses and logs stay under that directory. The last line of standard
output is the result object; see perfbench/README.md for the metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

# daily_merge is not in BENCHMARK.json: it fails its merge check at this
# commit (see perfbench/README.md, "Found at this commit")
WORKLOADS = ("daily_fresh", "corpus_curate", "daily_merge")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880
JVM_MEM = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    directory build.sbt compiles against (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = None
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if m is None:
        fail("set SPARK_HOME: build.sbt names no unmanagedBase jar directory", 2)
    return m.group(1)


def source_files():
    files = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files) + ["perfbench/build.sh"]


def ensure_built(build_dir):
    if not os.path.isdir("src/main/scala/graft"):
        fail("no engine sources (src/main/scala/graft) in this checkout", 2)
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, "stamp")
    classes = os.path.join(build_dir, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and os.path.isdir(classes):
        return classes
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.log"), "w") as log:
        try:
            r = subprocess.run(["bash", "perfbench/build.sh", classes, spark_jars()], stdout=log,
                               stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed, see {build_dir}/build.log")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


def java_cmd(classes, build_dir, main, args):
    tmp = os.path.abspath(os.path.join(build_dir, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens, "-XX:-UsePerfData", f"-Xms{JVM_MEM}", f"-Xmx{JVM_MEM}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            "-Duser.language=en", "-Duser.country=US",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'spark-warehouse')}",
            f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{os.path.abspath(classes)}:{spark_jars()}/*", main, *args]


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "w") as log:
        # two malloc arenas: the JVM's native allocations then land in the
        # same few arenas every run, which steadies peak_rss_mb
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            fail(f"run exceeded {timeout} s, see {log_path}")
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")

    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    t0 = time.monotonic()
    classes = ensure_built(build_dir)
    build_s = time.monotonic() - t0
    logs = os.path.join(build_dir, "logs")
    os.makedirs(logs, exist_ok=True)

    if a.self_test:
        work = os.path.join(build_dir, "work", "selftest")
        shutil.rmtree(work, ignore_errors=True)
        cmd = java_cmd(classes, build_dir, "perfbench.SelfTest", [os.path.abspath(work)])
        code, out = run_jvm(cmd, os.path.join(logs, "selftest.log"), 900)
        sys.stdout.write(out)
        sys.exit(code)

    work = os.path.join(build_dir, "work", a.workload)
    # keep the per-seed digest records, drop everything else of earlier runs
    if os.path.isdir(work):
        for n in os.listdir(work):
            if not n.startswith("digests-"):
                p = os.path.join(work, n)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    cmd = java_cmd(classes, build_dir, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", os.path.abspath(work)])
    log_path = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    # the first run in a checkout also builds; later runs get the full budget
    timeout = RUN_TIMEOUT_S if build_s < 1 else max(RUN_TIMEOUT_S, 880 - build_s)
    code, out = run_jvm(cmd, log_path, timeout)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"run failed (exit {code}), see {log_path}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line, see {log_path}")
    for l in lines:
        print(l)


if __name__ == "__main__":
    main()
