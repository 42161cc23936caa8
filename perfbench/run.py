#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one JVM, one result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: stream-steady, batch-headline (see
perfbench/README.md). The script compiles the engine (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler shipped among the
Spark jars, into .bench_build/, reusing the classes while the sources are
unchanged. It then starts the workload's JVM at local[N], N = the CPUs
this process may use, prints the workload's notes and, as the last line,
one JSON object: correct, attempted, failed and metrics (end-to-end with
--trace 0, per-layer with --trace 1; a traced run also writes its spans
to .bench_build/traces/).

Other modes:
    python3 perfbench/run.py --self-test       # seed and latency-rule tests
    python3 perfbench/run.py --record-hashes   # rewrite expected_hashes.txt
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

START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("stream-steady", "batch-headline")
# a first run compiles; every later run must end well inside 180 s
FIRST_RUN_LIMIT_S = 850
RUN_LIMIT_S = 170
# A fixed heap and young generation: with a growable heap, G1's sizing
# decisions made the peak RSS swing by a third between identical runs.
HEAP_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+UseG1GC"]

# Spark 4 on JDK 17 outside spark-submit (matches build.sbt's javaOptions)
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


def jar_dir():
    """The Spark jar directory the build itself names (build.sbt's
    unmanagedBase), or $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        fail("no build.sbt here: run from the root of a graft checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d) or \
            not any(re.match(r"scala-compiler-2\.13\.", f) for f in os.listdir(d)):
        fail(f"no Scala 2.13 compiler among the Spark jars in {d}")
    return d


def scala_files(top):
    out = []
    for dirpath, _, files in os.walk(top):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def compile_scala(jars, files, out, classpath, log):
    """scalac from the Spark jars; `out` appears only once complete."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(
        os.path.join(jars, j) for j in sorted(os.listdir(jars))
        if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", j))
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath, "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    os.remove(argfile)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"compile failed ({os.path.relpath(log, ROOT)})")
    os.rename(tmp, out)


def build(with_tests=False):
    """(classpath, whether anything was compiled) for the engine, the
    benchmark and, optionally, its tests."""
    jars = jar_dir()
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail("no src/main/scala here: run from the root of a graft checkout")
    layers = [("main", scala_files(main_src)),
              ("bench", scala_files(os.path.join(HERE, "src")))]
    if with_tests:
        layers.append(("test", scala_files(os.path.join(HERE, "test"))))
    cp = [os.path.join(jars, "*")]
    files_so_far = []
    compiled = False
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    for name, files in layers:
        files_so_far += files
        out = os.path.join(BUILD, "classes", f"{name}-{stamp(files_so_far)}")
        if not os.path.isdir(out):
            compile_scala(jars, files, out, os.pathsep.join(cp),
                          os.path.join(BUILD, "logs", f"compile-{name}.log"))
            compiled = True
        cp.insert(0, out)
    resources = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(resources):  # e.g. the DataSourceRegister service file
        cp.insert(0, resources)
    return os.pathsep.join(cp), compiled


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, main, args, log, limit_s, work):
    """Runs one JVM in its own process group; kills the group on timeout.
    Its temporary files (native libraries, Spark artifacts) stay in `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + HEAP_FLAGS + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, main] + args
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    if rc != 0:
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        fail(f"{main} {'timed out' if rc is None else f'exited with {rc}'} "
             f"({os.path.relpath(log, ROOT)})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-hashes", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.self_test or a.record_hashes):
        ap.error("--workload is required")

    classpath, compiled = build(with_tests=a.self_test)
    limit = (FIRST_RUN_LIMIT_S if compiled else RUN_LIMIT_S) - (time.monotonic() - START)

    work = os.path.join(BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(HERE, "data")
    expected = os.path.join(HERE, "expected_hashes.txt")
    common = ["--cpus", str(cpus()), "--work", work, "--data", data, "--expected", expected]
    logs = os.path.join(BUILD, "logs")
    try:
        if a.self_test:
            run_jvm(classpath, "graftbench.SelfTest", common,
                    os.path.join(logs, "self-test.log"), 600, work)
            print(open(os.path.join(logs, "self-test.log")).read().splitlines()[-1])
            return
        if a.record_hashes:
            run_jvm(classpath, "graftbench.Main", common + ["--record-hashes", expected],
                    os.path.join(logs, "record-hashes.log"), 600, work)
            print(f"wrote {os.path.relpath(expected, ROOT)}")
            return
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        out = os.path.join(work, "result.json")
        args = common + ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out]
        spans = None
        if a.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            spans = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
            args += ["--spans", spans]
        run_jvm(classpath, "graftbench.Main", args, os.path.join(logs, f"{tag}.log"), limit, work)
        rec = json.load(open(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {a.workload} seed {a.seed} cpus {cpus()} trace {a.trace}")
    for note in rec.pop("notes", []):
        print(note)
    for k, m in rec["metrics"].items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    if spans:
        print(f"spans: {os.path.relpath(spans, ROOT)}")
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
