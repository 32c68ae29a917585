#!/usr/bin/env python3
"""Run one workload of the event-store benchmark and print its result.

    python3 perfbench/run.py --workload command --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run builds the library and the
benchmark from source (sbt, offline) into perfbench/target; later runs
reuse the build until a source file changes. The benchmark itself runs in
one JVM (perfbench.Main); this script relays its output, keeps its log in
.bench_build/logs, and prints the result record as the last line:

    {"correct": true, "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list (plus the tracing overhead on the line
before, when an untraced run of the workload is on record).
"""
import argparse
import glob
import json
import os
import re
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
RUN_TIMEOUT_S = 170
# BENCHMARK.json gates command and analytics; tail runs the same way but
# is not gated (see README.md, "Steadiness").
WORKLOADS = ("command", "tail", "analytics")

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


def sources():
    pats = ["src/main/scala/**/*.scala", "perfbench/src/**/*", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    return [p for pat in pats for p in glob.glob(os.path.join(ROOT, pat), recursive=True)
            if os.path.isfile(p)]


def build():
    """Compile with sbt unless the recorded classpath is newer than every source."""
    srcs = sources()
    if os.path.exists(CLASSPATH) and all(os.path.getmtime(p) < os.path.getmtime(CLASSPATH) for p in srcs):
        return open(CLASSPATH).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=840)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log: {log})")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip()


def metric_names(spec, traced):
    return [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, help="default: BENCHMARK.json's run_seconds")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    if a.seconds is None:
        a.seconds = spec["run_seconds"]
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the library's sources (src/main/scala/graft) are not in this checkout")

    t_start = time.time()
    cp = build()
    t_built = time.time()
    for d in ("logs", "out", "tmp"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    log_path = os.path.join(BUILD, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
           f"-Dderby.system.home={os.path.join(BUILD, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Dperfbench.pins={os.path.join(HERE, 'expected.json')}",
           "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--out", os.path.join(BUILD, "out")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(BUILD, "tmp"))
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_path})", 1)
    print(f"perfbench: build check {t_built - t_start:.1f} s, run {time.time() - t_built:.1f} s",
          file=sys.stderr)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        fail(f"benchmark JVM exited with {p.returncode} (log: {log_path})", 1)
    result = json.loads(lines[-1])
    report = next((json.loads(l) for l in reversed(lines[:-1]) if l.startswith('{"workload"')), {})

    if a.trace:
        errors = sum(1 for l in open(log_path) if re.search(r"^\S+ \S+ ERROR ", l))
        result["metrics"]["log.error_lines"] = {"value": errors, "unit": "count"}
    want = metric_names(spec, bool(a.trace))
    if sorted(result["metrics"]) != sorted(want):
        fail(f"metric names differ from BENCHMARK.json: "
             f"{sorted(set(want) ^ set(result['metrics']))}", 1)

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "time": time.time(),
              "e2e": report.get("e2e", {})}
    results = os.path.join(BUILD, "results.jsonl")
    if a.trace:
        untraced = [json.loads(l) for l in open(results)] if os.path.exists(results) else []
        untraced = [r for r in untraced if r["workload"] == a.workload and r["trace"] == 0]
        if untraced:
            base = next((r for r in reversed(untraced) if r["seed"] == a.seed), untraced[-1])
            over = {k: record["e2e"][k] - v for k, v in base["e2e"].items() if k in record["e2e"]}
            print(json.dumps({"tracing_overhead": over, "untraced_seed": base["seed"],
                              "note": "traced minus untraced, per end-to-end metric"}))
        else:
            print(json.dumps({"tracing_overhead": None,
                              "note": "no untraced run of this workload on record"}))
    with open(results, "a") as f:
        f.write(json.dumps(record) + "\n")

    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 3)


if __name__ == "__main__":
    main()
