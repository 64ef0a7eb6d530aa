#!/usr/bin/env python3
"""Archive-lifecycle benchmark runner.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest|query --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source with sbt (once per source
state; the classpath is cached under .bench_build/), runs the workload in one
JVM, and prints its report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list; a traced run also reports its p50_ms against the
last untraced run of the same workload and seed as trace.overhead_pct. The
open-loop offered rate is read from the workload's "why" in BENCHMARK.json
("<N> events/s").
Exits non-zero, without a result line, when the engine sources are missing
or the build fails, and with correct=false when an output check fails.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build depends on, for the build stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles engine + benchmark; returns the runtime classpath."""
    for f in ["build.sbt", os.path.join("src", "main", "scala", "graft"),
              os.path.join("perfbench", "build.sbt")]:
        if not os.path.exists(os.path.join(ROOT, f)):
            die(f"engine sources not found ({f} is missing); run from a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = fh.read().split("\n", 1)
        if cached[0] == stamp:
            return cached[1].strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def untraced_p50(path):
    """The p50_ms of the last untraced run recorded at `path`, if any."""
    try:
        with open(path) as fh:
            return json.load(fh)["metrics"]["p50_ms"]["value"]
    except (OSError, ValueError, KeyError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found; run from the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    names = {w["name"]: w for w in spec["workloads"]}
    if a.workload not in names:
        die(f"unknown workload {a.workload}; expected one of {sorted(names)}")
    m = re.search(r"(\d+) events/s", names[a.workload]["why"])
    rate = int(m.group(1)) if m else 0

    cp = build()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--rate", str(rate)]
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log = os.path.join(WORK, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    t0 = time.time()
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"workload timed out after {JVM_TIMEOUT_S} s (log: {log})")
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"workload produced no result (exit {p.returncode}, log: {log})")
    report = lines[:-1]
    correct = result["correct"] and p.returncode == 0

    # tracing overhead: this traced run's p50 against the untraced one
    last = os.path.join(WORK, f"untraced-{a.workload}-{a.seed}.json")
    if not a.trace:
        with open(last, "w") as fh:
            json.dump(result, fh)
    else:
        base = untraced_p50(last)
        m = re.search(r"^p50_ms\s+([0-9.]+)", "\n".join(report), re.M)
        if base and m:
            pct = 100.0 * (float(m.group(1)) / base - 1.0)
            result["metrics"]["trace.overhead_pct"]["value"] = pct
            report.append(f"tracing overhead {pct:+.1f}% on p50_ms ({m.group(1)} vs untraced {base:.1f})")
        else:
            report.append("tracing overhead: no untraced run of this workload and seed to compare")
    want = [x["name"] for x in spec["per_layer" if a.trace else "end_to_end"]]
    if sorted(result["metrics"]) != sorted(want):
        report.append(f"check FAIL metrics {sorted(result['metrics'])} != BENCHMARK.json {sorted(want)}")
        correct = False
    shutil.rmtree(work, ignore_errors=True)

    print("\n".join(report))
    print(f"wall {time.time() - t0:.1f} s (JVM exit {p.returncode})")
    result["correct"] = bool(correct)
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
