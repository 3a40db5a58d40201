#!/usr/bin/env python3
"""Benchmark runner: builds the program with the benchmark (perfbench/),
runs one workload in a fresh JVM and prints its record.

    python3 perfbench/run.py --workload stream_host_stats --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}; --trace 0 reports
the end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones
(plus the tracing overhead: the run measures untraced, then again traced). The line
before it is the full record: per-workload metrics with sample counts,
stamps and any failed gate. Exits non-zero when a gate fails or the
program cannot be built. `--selftest` runs the benchmark's self-tests;
`--record-curate` prints the contents of curate_expected.json.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

BENCH = "perfbench"
WORK = os.path.join(".bench_build", "perfbench")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join("src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in sorted(os.walk(top)):
            out += [os.path.join(d, f) for f in sorted(fs)]
    return out


def build(home):
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        fail("src/main/scala not found: run from the root of a checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest() and os.path.isdir(classes):
        return classes
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found")
    r = subprocess.run([sbt, "-batch", "-Dsbt.server.forcestart=false", "compile"], cwd=BENCH,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


def jvm(home, classes, args, timeout=JVM_TIMEOUT_S):
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(home, "jars", "*")]),
            "perfbench.Main"] + args
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"JVM did not finish within {timeout} s")
    for line in out.splitlines():
        if line.startswith(("PERFBENCH_RESULT ", "PERFBENCH_SELFTEST ")):
            return line.split(" ", 1)[1]
        if line.startswith("PERFBENCH_RECORD "):
            return out[out.index(line) + len("PERFBENCH_RECORD "):]
    fail(f"JVM exited {p.returncode} without a result")


def run_once(home, classes, a, work):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return json.loads(jvm(home, classes, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def declared():
    with open("BENCHMARK.json") as fh:
        b = json.load(fh)
    return ({m["name"]: m for m in b["end_to_end"]}, {m["name"]: m for m in b["per_layer"]},
            [w["name"] for w in b["workloads"]])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-curate", action="store_true")
    a = ap.parse_args()
    if not os.path.isfile("BENCHMARK.json"):
        fail("BENCHMARK.json not found: run from the root of a checkout")
    e2e, layer, workloads = declared()
    home = spark_home()
    classes = build(home)

    if a.selftest:
        bad = [n for n in list(e2e) + list(layer) + workloads if not NAME.match(n)]
        if bad:
            fail(f"malformed names in BENCHMARK.json: {bad}", 1)
        print(jvm(home, classes, ["--selftest"]))
        return
    if a.record_curate:
        work = os.path.join(WORK, f"record-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        try:
            print(jvm(home, classes, ["--record-curate", "--work", work],
                      timeout=3600))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; known: {workloads}")

    work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    rec = run_once(home, classes, a, work)

    # every emitted name must be well-formed and declared in BENCHMARK.json
    emitted = list(rec["e2e"]) + list(rec["layer"])
    undeclared = [n for n in emitted if not NAME.match(n) or n not in e2e and n not in layer]
    missing_e2e = [n for n in e2e if n not in rec["e2e"]]
    if undeclared or missing_e2e:
        fail(f"undeclared metrics {undeclared}; missing end-to-end metrics {missing_e2e}", 1)

    if a.trace:  # a layer the workload does not exercise did no work
        metrics = {n: rec["layer"].get(n, {"value": 0.0, "unit": m["unit"]}) for n, m in layer.items()}
    else:
        metrics = {n: rec["e2e"][n] for n in e2e}
    print(json.dumps({"detail": {k: rec[k] for k in ("named", "stamps", "failures")}}))
    print(json.dumps({"correct": bool(rec["correct"]) and rec["failed"] == 0,
                      "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": metrics}))
    sys.exit(0 if rec["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
