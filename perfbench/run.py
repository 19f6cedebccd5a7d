#!/usr/bin/env python3
"""Runs one workload of the flow-analytics benchmark from the repository root.

    python3 perfbench/run.py --workload <ingest|release> --seed <n>
        --seconds <n> --trace <0|1>

The first run in a checkout builds the library and the benchmark from source
with sbt (perfbench/build.sbt) into .bench_build/; later runs reuse the build
while the sources are unchanged. The benchmark JVM prints a detail line and,
last, one JSON result line; this script passes both through and exits
non-zero, printing no result, when the build or the run fails.
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
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
           os.path.join(BENCH, "build.sbt"),
           os.path.join(BENCH, "project", "build.properties")]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (as the library's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, building first when sources changed."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    if not env.get("SPARK_HOME"):
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("set SPARK_HOME: no Spark installation found")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    if r.returncode != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    cp = next((l for l in reversed(lines) if "scala-2.13/classes" in l
               and not l.startswith("[")), None)
    if cp is None:
        fail(f"build printed no classpath (log: {log})")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the library sources (src/main/scala/graft) are not here: "
             "run from the root of a full checkout", 2)
    cp = build()

    work = os.path.join(BUILD, "work", a.workload)
    logs = os.path.join(BUILD, "logs")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(logs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # softly reachable caches do not count as retained heap
        "-Xmx3g", "-XX:SoftRefLRUPolicyMSPerMB=0", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + tmp, "-cp", cp,
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    err_path = os.path.join(logs, tag + ".err")
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {err_path})")
    lines = [l for l in stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        result = None
    if p.returncode != 0 or result is None:
        with open(err_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{a.workload} exited with {p.returncode} (log: {err_path})")

    # tracing overhead: the traced end-to-end numbers minus the untraced ones
    # of the same seed, when that run was made in this checkout
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(result, f)
    untraced = os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json")
    for l in lines[:-1]:
        print(l)
    if a.trace == "1" and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["metrics"]
        overhead = {n[len("traced."):]: v["value"] - base[n[len("traced."):]]["value"]
                    for n, v in result["metrics"].items()
                    if n.startswith("traced.") and n[len("traced."):] in base}
        print(json.dumps({"tracing_overhead": overhead}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
