#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles graft and the benchmark
from source into perfbench/target/classes; later runs rebuild only when a
source file or build.sbt changed. Each
workload runs in a JVM of its own with a fresh warehouse, which is deleted
when the run ends.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: every end-to-end metric of
BENCHMARK.json with --trace 0, every per-layer metric with --trace 1. The
full record of each run (workload-specific metrics, and for traced runs
the span tree, layer self times and the tracing overhead) is written to
perfbench/target/runs/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
RUNS = os.path.join(TARGET, "runs")
RUN_LIMIT_S = 175          # a run must end within 180 s
FIRST_RUN_LIMIT_S = 880    # ...and within 900 s when it builds
# Why each flag is set: perfbench/LAYERS.md, "The loop".
JVM_FLAGS = ["-Xmx2g", "-Xms2g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
             "-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.05",
             "-XX:ReservedCodeCacheSize=240m",
             # no perf-data file: the run writes only inside its checkout
             "-XX:-UsePerfData"]
# Runnable by name but not in BENCHMARK.json: an evaluation of a change
# fits three workloads in its hour (see LAYERS.md).
UNGATED = ["plan_large"]

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jars_dir():
    """The jars directory that graft's build.sbt names, checked to hold the
    Scala compiler at the version build.sbt names."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        sbt = f.read()
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt)
    base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not (version and base):
        fail("build.sbt names no scalaVersion or unmanagedBase jars directory")
    path = base.group(1)
    if not os.path.isfile(os.path.join(path, f"scala-compiler-{version.group(1)}.jar")):
        fail(f"no Scala {version.group(1)} compiler in {path}")
    return path


def sources():
    return sorted(os.path.join(d, f)
                  for r in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala"))
                  for d, _, fs in os.walk(r) for f in fs if f.endswith(".scala"))


def source_stamp(srcs):
    """Hash of every input of the build, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    for p in [os.path.join(ROOT, "build.sbt")] + srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, log_path, limit_s):
    """Runs cmd in a process group of its own; kills the group at the limit
    and always waits for it. Returns the exit code (None on timeout)."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1, limit_s))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def classpath(deadline):
    """Compiles graft's and the benchmark's sources in one pass of the Scala
    compiler that build.sbt's jars directory holds (the version build.sbt
    names), and returns the run's classpath. The classes are the same bytes
    sbt's build makes; calling the compiler directly means the build reads
    only the JDK and that directory and writes only under perfbench/target."""
    jars = jars_dir()
    srcs = sources()
    stamp = source_stamp(srcs)
    classes = os.path.join(TARGET, "classes")
    stamp_file = os.path.join(TARGET, "build.stamp")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and os.path.isdir(classes):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return cp
    shutil.rmtree(classes, ignore_errors=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    tmp = os.path.join(TARGET, "build-tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(classes)
    os.makedirs(tmp)
    args_file = os.path.join(tmp, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log_path = os.path.join(TARGET, "build.log")
    code = run_bounded([java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                        "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
                        "-usejavacp", "-d", classes, "@" + args_file],
                       ROOT, log_path, deadline - time.time())
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        with open(log_path, errors="replace") as f:
            tail = "".join(f.readlines()[-20:])
        fail(f"build failed (exit {code}); see {log_path}\n{tail}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_workload(bench, workload, seed, seconds, trace, deadline):
    cp = classpath(deadline)
    os.makedirs(RUNS, exist_ok=True)
    work = os.path.join(TARGET, f"work-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = [java()] + JVM_FLAGS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work,
            "--out", out, "--cores", str(cores())]
    log_path = os.path.join(RUNS, f"{workload}-s{seed}-t{trace}.log")
    try:
        code = run_bounded(cmd, ROOT, log_path, deadline - time.time())
        if code != 0 or not os.path.exists(out):
            with open(log_path, errors="replace") as f:
                tail = "".join(f.readlines()[-30:])
            fail(f"{workload}: JVM exit {code}; see {log_path}\n{tail}")
        with open(out) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e_names = [m["name"] for m in bench["end_to_end"]]
    layer_names = [m["name"] for m in bench["per_layer"]]
    want = layer_names if trace else e2e_names
    have = rec["per_layer"] if trace else rec["end_to_end"]
    missing = [n for n in want if n not in have or have[n]["value"] is None]
    if missing:
        fail(f"{workload}: no value for {', '.join(missing)}")

    if trace:
        latest = os.path.join(RUNS, f"{workload}-latest-untraced.json")
        if os.path.exists(latest):
            with open(latest) as f:
                base = json.load(f)
            rec["tracing_overhead"] = {
                "untraced_seed": base["seed"],
                "metrics": {n: {"untraced": base["end_to_end"][n]["value"],
                                "traced": m["value"],
                                "traced_minus_untraced": m["value"] - base["end_to_end"][n]["value"],
                                "unit": m["unit"]}
                            for n, m in rec["end_to_end"].items() if n in base["end_to_end"]}}
        else:
            rec["tracing_overhead"] = None
    artifact = os.path.join(RUNS, f"{workload}-s{seed}-t{trace}.json")
    with open(artifact, "w") as f:
        json.dump(rec, f, indent=1)
    if not trace:
        shutil.copyfile(artifact, os.path.join(RUNS, f"{workload}-latest-untraced.json"))
    return rec, {n: have[n] for n in want}


def describe(rec):
    lines = [f"== {rec['workload']} seed={rec['seed']} trace={rec['trace']} "
             f"ops={rec['attempted']} timed={rec['timed_samples']} failed={rec['failed']} "
             f"correct={str(rec['correct']).lower()}"]
    for group in ("end_to_end", "extra"):
        for n, m in rec[group].items():
            lines.append(f"  {n:32s} {m['value']!s:>24} {m['unit']}")
    for k, v in rec["kinds"].items():
        lines.append(f"  op {k:29s} n={v['n']:<5} p50_ms={v['p50_ms']}")
    if rec["trace"]:
        lines.append("  layer self time, ms per op:")
        for n, v in rec["self_ms_per_op"].items():
            lines.append(f"    {n:30s} {v}")
    return "\n".join(lines)


def main():
    # a terminated run still stops (and waits for) the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft's sources are not next to perfbench/; run from a full checkout")
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(bench_path) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    todo = names if a.workload == "all" else [a.workload]
    if any(w not in names + UNGATED for w in todo):
        fail(f"unknown workload {a.workload}; choose from {', '.join(names + UNGATED)} or all")

    built = os.path.exists(os.path.join(TARGET, "build.stamp"))
    limit = RUN_LIMIT_S if built else FIRST_RUN_LIMIT_S
    results = []
    for w in todo:
        deadline = (start + limit) if len(todo) == 1 else time.time() + FIRST_RUN_LIMIT_S
        rec, metrics = run_workload(bench, w, a.seed, a.seconds, a.trace, deadline)
        print(describe(rec), flush=True)
        results.append((w, rec, metrics))

    if len(results) == 1:
        _, rec, metrics = results[0]
    else:
        rec = {"correct": all(r["correct"] for _, r, _ in results),
               "attempted": sum(r["attempted"] for _, r, _ in results),
               "failed": sum(r["failed"] for _, r, _ in results)}
        metrics = {f"{w}.{n}": m for w, _, ms in results for n, m in ms.items()}
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
