#!/usr/bin/env python3
"""Build the engine plus the benchmark from source, run one workload, and
print one JSON result line.

    python3 perfbench/run.py --workload ann_search --seed 1 --seconds 8 --trace 0

Run from the repository root. The build (plain scalac from the Spark
distribution's jars, no sbt) goes to .bench_build/perfbench/classes and is
reused while the sources are unchanged. With --trace 0 the result carries
every end-to-end metric named in BENCHMARK.json; with --trace 1 every
per-layer metric. The full report (calibration, per-request details,
deterministic counts, spans) is kept under .bench_build/perfbench/reports.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
RUN_LIMIT_S = 170  # a run must end within 180 s; keep a margin for teardown
# runnable by hand, outside the gated set in BENCHMARK.json (see README.md)
EXTRA_WORKLOADS = {"churn"}

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# repository's build.sbt passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)", 2)
    return jars


def scala_sources():
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources missing: {os.path.relpath(ENGINE_SRC, ROOT)} (run from a full checkout)", 2)
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compiles engine + benchmark sources once per distinct source tree."""
    sources = scala_sources()
    h = hashlib.sha256()
    for f in sources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, False
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed", 2)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"perfbench: built {len(sources)} sources in {time.time() - t0:.0f} s", file=sys.stderr)
    return classes, True


def run_java(cmd, limit_s, env):
    """Runs the benchmark JVM in its own process group; kills the group on
    timeout and always waits for it to end."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {limit_s:.0f} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]} | EXTRA_WORKLOADS:
        fail(f"unknown workload {a.workload}", 2)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    jars = spark_jars()
    classes, built = build(jars)
    if built:  # the build has its own allowance; the run limit starts now
        start = time.time()

    work = os.path.join(BUILD, f"work-{os.getpid()}")
    reports = os.path.join(BUILD, "reports")
    os.makedirs(reports, exist_ok=True)
    report = os.path.join(reports, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    for stale in (report, report + ".spans.jsonl"):
        if os.path.exists(stale):
            os.remove(stale)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))

    cp = os.pathsep.join([classes, ENGINE_RES, os.path.join(jars, "*")])
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           *[x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           # a run generates 100-160 distinct classes; with the default
           # 100-entry code cache, how many are evicted and recompiled on
           # every pass (0 to 45) varies from JVM to JVM
           "-Dspark.sql.codegen.cache.maxEntries=1000",
           "-cp", cp, "perfbench.Main",
           a.workload, str(a.seed), str(a.seconds), str(a.trace), os.path.join(work, "data"), report]
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    try:
        code = run_java(cmd, RUN_LIMIT_S - (time.time() - start), env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(report):
        fail(f"benchmark JVM exited with code {code}")

    with open(report) as fh:
        rep = json.load(fh)
    values = rep["per_layer"] if a.trace else rep["end_to_end"]
    names = {m["name"] for m in wanted}
    if set(values) != names:
        fail(f"reported metrics {sorted(set(values) ^ names)} differ from BENCHMARK.json")
    metrics = {}
    for m in wanted:
        v = values[m["name"]]
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} is not a finite number: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for e in rep["errors"]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({"correct": bool(rep["correct"]), "attempted": int(rep["attempted"]),
                      "failed": int(rep["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
