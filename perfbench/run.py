#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine (see perfbench/README.md).

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload text_vector --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --seed 1 --seconds 10              # every workload
    python3 perfbench/run.py --smoke --workload graph_dedup     # tiny data set
    python3 perfbench/run.py --selftest                         # instrument checks

Run from the root of a checkout. The engine and the benchmark's JVM driver
are compiled from source into perfbench/.work (cached by source hash), and
one JVM runs the workload at local[<cores>] over the repo's sf 0.01 test
tables (a copy in perfbench/data; sf 0.001 with --smoke). The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). Exit status is non-zero
when the checkout cannot be built, when the run cannot complete, or when a
layer that did work reads zero.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import workloads  # noqa: E402

JVM_TIMEOUT_S = 160
DATA = os.path.join(HERE, "data")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


def spark_jars():
    """The Spark jar directory the project's build.sbt compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("build.sbt names no Spark jar directory (unmanagedBase)")
    return m.group(1)


def build():
    """Compile src/main/scala and perfbench/src with scalac; cached by the
    sources' hash. Returns the classpath to run with."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout: build.sbt and src/main/scala are missing")
    jars = os.path.join(spark_jars(), "*")
    srcs = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                  + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(WORK, "build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if not os.path.exists(os.path.join(out, "ok")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        t0 = time.time()
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
                            "scala.tools.nsc.Main",
                            "-nowarn", "-d", classes, "-cp", jars, "@" + argfile],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail("compilation failed")
        with open(os.path.join(out, "ok"), "w") as f:
            f.write(f"{time.time() - t0:.1f}\n")
    return classes + os.pathsep + jars


# A fixed heap and young generation under the parallel collector: eden is
# touched in full once, so peak RSS follows what the old generation retains.
# G1's adaptive heap sizing made peak RSS differ by half between identical
# runs. No perf-data file, so nothing is written outside the checkout.
JVM_FLAGS = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:-UsePerfData"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(classpath, spec, run_dir):
    """Launch the JVM driver on `spec`; returns (result dict, launch epoch ms)."""
    spec_path = os.path.join(run_dir, "spec.json")
    spec["result"] = os.path.join(run_dir, "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", spec_path]
    log_path = os.path.join(run_dir, "jvm.log")
    launched_ms = time.time() * 1000.0
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S,
                               env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local")))
        except subprocess.TimeoutExpired:
            fail(f"the JVM did not finish within {JVM_TIMEOUT_S} s (log: {log_path})", 4)
    result = {}
    if os.path.exists(spec["result"]):
        with open(spec["result"]) as f:
            result = json.load(f)
    if r.returncode != 0 or "fatal" in result:
        with open(log_path) as f:
            print(f.read()[-3000:], file=sys.stderr)
        fail(f"the JVM failed: {result.get('fatal', 'exit %d' % r.returncode)}", 4)
    return result, launched_ms


def run_workload(name, seed, seconds, trace, smoke=False):
    """Run one workload; returns (line dict, summary text)."""
    classpath = build()
    wl = workloads.WORKLOADS[name]
    data = os.path.join(DATA, "sf0.001" if smoke else "sf0.01")
    # the latest run of each workload and mode stays for inspection
    run_dir = os.path.join(WORK, "runs", f"{name}-trace{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spec = {"mode": "run", "workload": name, "cores": cores(), "data_dir": data,
            "work_dir": run_dir, "seconds": seconds, "trace": bool(trace),
            "spans": os.path.join(run_dir, "spans.jsonl")}
    expected = os.path.join(WORK, "expected")
    spec.update(workloads.make_inputs(name, seed, data, run_dir, expected))
    result, launched_ms = run_jvm(classpath, spec, run_dir)
    failures = list(result.get("failures", []))
    # untimed: the warm-up, and a batch workload's check pass
    attempted = len(result.get("ops", [])) + len(spec["warmup"]) + len(spec.get("queries", []))
    if "queries" in spec:
        failures += workloads.check_batch(data, spec["check_dir"], result.get("oracle_sql", {}),
                                          spec["queries"], expected, failures)
    if trace:
        values, units, zeros = metrics.per_layer(name, spec, result)
        if zeros:
            fail(f"{name}: layers that did work read zero: {', '.join(zeros)}", 3)
    else:
        values, units = metrics.end_to_end(spec, result, launched_ms, wl["tail"])
    summary = metrics.summary(name, seed, spec, result, launched_ms, failures, attempted,
                              wl["tail"])
    line = {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    return line, summary


def selftest():
    """Instrument checks on the tiny data set; prints the JVM's findings."""
    classpath = build()
    run_dir = os.path.join(WORK, "runs", "selftest")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spec = {"mode": "selftest", "cores": cores(), "data_dir": os.path.join(DATA, "sf0.001"),
            "work_dir": run_dir, "spans": os.path.join(run_dir, "spans.jsonl")}
    result, _ = run_jvm(classpath, spec, run_dir)
    print(json.dumps(result))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run on the sf 0.001 test tables for a couple of seconds")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    seconds = 2 if a.smoke else a.seconds
    names = [a.workload] if a.workload else sorted(workloads.WORKLOADS)
    lines = []
    for n in names:
        line, summary = run_workload(n, a.seed, seconds, a.trace, a.smoke)
        print(summary, flush=True)
        lines.append(line)
    if len(lines) == 1:
        print(json.dumps(lines[0]))
    else:
        print(json.dumps({"correct": all(x["correct"] for x in lines),
                          "attempted": sum(x["attempted"] for x in lines),
                          "failed": sum(x["failed"] for x in lines),
                          "metrics": {f"{n}.{k}": v for n, x in zip(names, lines)
                                      for k, v in x["metrics"].items()}}))


if __name__ == "__main__":
    main()
